package graft.ops

import graft.SharedSpark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextOpsSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  test("langId picks the right profile for clear-cut text") {
    val df = Seq(
      ("the cat and the dog went to the house and it was good", "en"),
      ("der hund und die katze sind nicht mit dem mann auf der straße", "de"),
      ("le chat et le chien sont dans la maison pour les vacances", "fr"),
      ("el perro y el gato en la casa con una mesa para el niño", "es"),
      ("zzz qqq www", "und")
    ).toDF("text", "expected")
    val got = df.select(TextOps.langId($"text").as("lang"), $"expected").collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"got ${r.getString(0)} expected ${r.getString(1)}"))
  }

  test("quality score orders garbage below prose; features sane") {
    val df = Seq(
      ("good", "The quick brown fox jumps over the lazy dog while the sun rises " +
        "over the quiet village and people start their morning routines with coffee."),
      ("digits", "4 8 15 16 23 42 108 3.14159 2.71828 1337 99999 00000 12345 67890"),
      ("short", "ok"),
      ("punct", "!!! ??? *** $$$ %%% @@@ ### &&& ((( ))) [[[ ]]] {{{ }}}")
    ).toDF("kind", "text")
    val scores = df.select($"kind", TextOps.qualityScore($"text").as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(scores("good") > 0.8, s"good prose scored ${scores("good")}")
    assert(scores("good") > scores("digits") && scores("good") > scores("short") &&
      scores("good") > scores("punct"), s"ordering wrong: $scores")
    assert(scores("punct") < 0.4, s"punct garbage scored ${scores("punct")}")
  }

  test("token counts: whitespace exact; bpe-ish >= whitespace on punctuated text") {
    val df = Seq("hello world, this is a test! with punct-uation.").toDF("text")
    val r = df.select(
      TextOps.tokenCountWhitespace($"text").as("ws"),
      TextOps.tokenCountBpeish($"text").as("bpe")).collect()(0)
    assert(r.getInt(0) == 8)
    assert(r.getInt(1) >= r.getInt(0), s"bpe ${r.getInt(1)} < ws ${r.getInt(0)}")
  }

  test("docFingerprint stable under formatting, different for different content") {
    val df = Seq(
      ("a", "Hello   World  \n foo"),
      ("b", "hello world foo"),
      ("c", "hello world bar")
    ).toDF("id", "text")
    val fp = df.select($"id", TextOps.docFingerprint($"text").as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fp("a") == fp("b"))
    assert(fp("a") != fp("c"))
  }
}

class SimilaritySpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def unitVec(dim: Int, seed: Int): Seq[Float] = {
    val rnd = new scala.util.Random(seed)
    val v = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x * x).sum).toFloat
    v.map(_ / n)
  }

  private def jitter(v: Seq[Float], eps: Float, seed: Int): Seq[Float] = {
    val rnd = new scala.util.Random(seed)
    v.map(x => x + rnd.nextGaussian().toFloat * eps)
  }

  test("cosine column algebra: identical -> 1, orthogonal -> 0") {
    val df = Seq((Seq(1f, 0f, 0f), Seq(1f, 0f, 0f), Seq(0f, 1f, 0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine($"a", $"b").as("same"),
      Similarity.cosine($"a", $"c").as("orth")).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-6)
    assert(math.abs(r.getDouble(1)) < 1e-6)
  }

  test("bruteForceTopK returns the true nearest neighbors") {
    val dim = 16
    val base = (0 until 50).map(i => (i.toLong, unitVec(dim, i)))
    // corpus row 1000+i is a jittered copy of query i's vector
    val corpus = (base.map { case (i, v) => (i, v) } ++
      (0 until 5).map(i => (1000L + i, jitter(unitVec(dim, i), 0.05f, 77 + i))))
      .toDF("id", "vec")
    val queries = (0 until 5).map(i => (i.toLong, unitVec(dim, i))).toDF("qid", "qvec")
    val top1 = Similarity.bruteForceTopK(corpus, "id", "vec", queries, "qid", "qvec", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the nearest neighbor of query i is corpus row i itself (cosine 1)
    (0 until 5).foreach(i => assert(top1(i.toLong) == i.toLong, s"q$i -> ${top1(i.toLong)}"))
    val top2 = Similarity.bruteForceTopK(corpus, "id", "vec", queries, "qid", "qvec", 2)
      .filter($"rank" === 2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 5).foreach(i => assert(top2(i.toLong) == 1000L + i,
      s"q$i 2nd -> ${top2(i.toLong)}"))
  }

  test("embeddingNearDupPairs finds jittered copies, skips unrelated vectors") {
    val dim = 16
    val base = (0 until 60).map(i => (i.toLong, unitVec(dim, i)))
    val dups = (0 until 5).map(i => (100L + i, jitter(unitVec(dim, i), 0.01f, 900 + i)))
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(df, "vec_id", "embedding", dim,
      threshold = 0.98, planes = 8, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = (0 until 5).count(i => pairs.contains((i.toLong, 100L + i)))
    assert(hits >= 4, s"recall too low: $hits/5 ($pairs)")
    // unrelated random unit vectors in 16d essentially never reach cosine 0.98
    assert(pairs.forall { case (a, b) => b - a == 100L },
      s"false positives: ${pairs.filterNot { case (a, b) => b - a == 100L }}")
  }

  test("lshTopK recalls the true top-1 with multiple tables") {
    val dim = 16
    val corpus = (0 until 200).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec")
    val queries = (0 until 10).map(i => (i.toLong, jitter(unitVec(dim, i), 0.02f, 500 + i)))
      .toDF("qid", "qvec")
    val got = Similarity.lshTopK(corpus, "id", "vec", queries, "qid", "qvec",
      k = 1, dim = dim, planes = 8, tables = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0 until 10).count(i => got.get(i.toLong).contains(i.toLong))
    assert(hits >= 8, s"LSH recall too low: $hits/10 ($got)")
  }

  test("ivfTopK: deterministic centroids; nProbe cells recall the true top-1") {
    val dim = 16
    val corpus = (0 until 300).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec")
    val queries = (0 until 10).map(i => (i.toLong, jitter(unitVec(dim, i), 0.02f, 500 + i)))
      .toDF("qid", "qvec")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 12, sampleSize = 300)
    // determinism: retraining on the same corpus gives identical centroids —
    // even under a DIFFERENT partitioning/row order, because the hash-spread
    // sample is a pure function of the data multiset, not the plan
    val again = Similarity.trainIvfCentroids(corpus.repartition(7), "vec",
      k = 12, sampleSize = 300)
    assert(centroids.zip(again).forall { case (a, b) => a.sameElements(b) },
      "IVF training must be deterministic and partitioning-invariant")
    assert(centroids.forall(c =>
      math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9), "centroids normalized")
    val got = Similarity.ivfTopK(corpus, "id", "vec", queries, "qid", "qvec",
      k = 1, centroids, nProbe = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0 until 10).count(i => got.get(i.toLong).contains(i.toLong))
    assert(hits >= 8, s"IVF recall too low: $hits/10 ($got)")
    // full probe (nProbe = k) degenerates to exact brute force
    val full = Similarity.ivfTopK(corpus, "id", "vec", queries, "qid", "qvec",
      k = 1, centroids, nProbe = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = Similarity.bruteForceTopK(corpus, "id", "vec", queries, "qid", "qvec", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == brute, s"nProbe=k must equal brute force: $full vs $brute")
  }

  test("trainIvfCentroids samples across ALL partitions, not the first-scanned slice") {
    val dim = 8
    def around(center: Array[Float], seed: Int): Seq[Float] = {
      val r = new scala.util.Random(seed)
      center.map(x => x + r.nextGaussian().toFloat * 0.02f).toSeq
    }
    val a = Array.fill(dim)(0.0f).updated(0, 1.0f)
    val b = Array.fill(dim)(0.0f).updated(1, 1.0f)
    // topic-clustered layout: partition 0 holds ONLY cluster A, partition 1
    // ONLY cluster B — exactly the corpus shape where limit(n) trained the
    // quantizer on one unrepresentative slice
    val rows = (0 until 100).map(i => (i.toLong, around(a, i))) ++
      (100 until 200).map(i => (i.toLong, around(b, i)))
    val corpus = rows.toDF("id", "vec")
      .repartitionByRange(2, $"id")
      .sortWithinPartitions($"id")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 2, sampleSize = 50)
    assert(centroids.length == 2)
    def maxDot(dir: Array[Float]): Double =
      centroids.map(c => c.zip(dir).map { case (x, y) => x * y }.sum).max
    // one centroid must represent each cluster — a first-partition-only
    // sample would leave cluster B unrepresented (max dot ~0)
    assert(maxDot(a) > 0.9, s"cluster A unrepresented: ${centroids.map(_.toSeq).toSeq}")
    assert(maxDot(b) > 0.9, s"cluster B unrepresented: ${centroids.map(_.toSeq).toSeq}")
  }

  test("trainIvfCentroids: fewer distinct directions than k -> fewer, distinct centroids") {
    val dim = 4
    val u = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val v = Array(0.0f, 1.0f, 0.0f, 0.0f)
    // 50 rows but only two distinct vectors; k = 5 used to emit duplicate
    // centroids (permanently empty IVF cells)
    val rows = (0 until 50).map(i => (i.toLong, if (i % 2 == 0) u else v))
    val centroids = Similarity.trainIvfCentroids(rows.toDF("id", "vec"), "vec",
      k = 5, sampleSize = 50)
    assert(centroids.length == 2, s"expected 2 distinct centroids, got ${centroids.length}")
    assert(!centroids(0).sameElements(centroids(1)), "duplicate centroids")
    // and serving still works with the reduced centroid set
    val queries = Seq((0L, u), (1L, v)).toDF("qid", "qvec")
    val got = Similarity.ivfTopK(rows.toDF("id", "vec"), "id", "vec",
      queries, "qid", "qvec", k = 1, centroids, nProbe = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) == 0L && got(1L) == 1L, s"IVF serving broken: $got")
    // a caller-side nProbe larger than the reduced centroid count must not
    // throw — ivfTopK clamps it to centroids.length
    val clamped = Similarity.ivfTopK(rows.toDF("id", "vec"), "id", "vec",
      queries, "qid", "qvec", k = 1, centroids, nProbe = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clamped == got, s"clamped full probe diverged: $clamped vs $got")
  }

  test("persisted IVF index: fullprobe == brute force; probes PRUNE partitions (poison proof)") {
    val dim = 8
    val corpus = (0 until 400).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 8, sampleSize = 400)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_index_").toString
    Similarity.assignCells(corpus, "id", "vec", centroids, idx)
    // sidecar round-trips bit-exactly
    val loaded = Similarity.loadCentroids(spark, idx)
    assert(loaded.length == centroids.length &&
      loaded.zip(centroids).forall { case (a, b) => a.sameElements(b) },
      "centroid sidecar must round-trip exactly")
    val queries = (0 until 5).map(i => (i.toLong, jitter(unitVec(dim, i), 0.02f, 900 + i)))
      .toDF("qid", "qvec")
    // fullprobe-from-index must equal brute force row for row
    val full = Similarity.ivfTopKFromIndex(spark, idx, queries, "qid", "qvec",
      k = 3, nProbe = centroids.length)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(corpus, "id", "vec", queries, "qid", "qvec", 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full == brute, s"indexed fullprobe diverged from brute force")
    // PRUNING PROOF: poison every cell partition the nProbe=1 queries do NOT
    // probe — if the pruned scan listed or read those partitions, the query
    // would throw on the garbage files; completing proves partition pruning
    // works at the I/O level, not just in the plan text
    val probed = queries.select(
      explode(graft.functions.nearest_centroids($"qvec", loaded, 1)).as("c"))
      .distinct().collect().map(_.getInt(0)).toSet
    val allCells = spark.read.parquet(idx).select($"cell").distinct()
      .collect().map(_.getInt(0)).toSet
    val unprobed = allCells -- probed
    assert(unprobed.nonEmpty, s"fixture broken: queries probe every cell ($probed)")
    unprobed.foreach { c =>
      val dir = java.nio.file.Paths.get(idx, s"cell=$c")
      java.nio.file.Files.list(dir).forEach { f =>
        if (f.getFileName.toString.endsWith(".parquet"))
          java.nio.file.Files.write(f, "poisoned-not-a-parquet-file".getBytes("UTF-8"))
      }
    }
    val pruned = Similarity.ivfTopKFromIndex(spark, idx, queries, "qid", "qvec",
      k = 1, nProbe = 1)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("cell"),
      s"no literal partition filter on the index scan:\n$planStr")
    val got = pruned.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty, "pruned probe returned nothing")
    // non-vacuous poison: a probe that DOES touch the poisoned cells fails
    intercept[Exception] {
      Similarity.ivfTopKFromIndex(spark, idx, queries, "qid", "qvec",
        k = 1, nProbe = loaded.length).collect()
    }
  }

  test("centroid sidecar: driver-written file is Spark-readable and loadCentroids is bit-exact") {
    val dim = 8
    val rnd = new scala.util.Random(31)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
    val corpus = vecs.toDF("vec_id", "embedding")
    val centroids = Similarity.trainIvfCentroids(corpus, "embedding", k = 4,
      sampleSize = 100)
    val idx = java.nio.file.Files.createTempDirectory("graft_sidecar_spec_").toString
    Similarity.assignCells(corpus, "vec_id", "embedding", centroids, idx)
    // the fast path must have produced the driver-written file (a Spark
    // fallback here would silently hide a broken writer)
    val files = new java.io.File(s"$idx/_centroids").list().toSeq
    assert(files.contains("part-00000-centroids.parquet"),
      s"expected the driver-written sidecar, found: $files")
    // plain Spark read (the fallback path + external consumers) agrees
    val viaSpark = spark.read.parquet(s"$idx/_centroids")
      .orderBy($"idx").select($"centroid").collect()
      .map(_.getSeq[Double](0).toArray)
    assert(viaSpark.length == centroids.length)
    viaSpark.zip(centroids).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b), "spark-read sidecar diverged") }
    // and the driver-side reader agrees bit for bit
    val viaDriver = Similarity.loadCentroids(spark, idx)
    assert(viaDriver.length == centroids.length)
    viaDriver.zip(centroids).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b), "driver-read sidecar diverged") }
  }

  test("an unreadable centroid file fails every reader loudly, naming the file") {
    val (_, _, idx, probe, _) = smallIndex("graft_ivf_bad_centroids_")
    val file = new java.io.File(idx, "_centroids/part-00000-centroids.parquet")
    java.nio.file.Files.write(file.toPath, "poisoned-not-a-parquet-file".getBytes("UTF-8"))
    // the local file system's checksum of the file as written
    java.nio.file.Files.delete(new java.io.File(file.getParentFile,
      s".${file.getName}.crc").toPath)
    def failsNamingIt(call: => Any): Unit = {
      val e = intercept[java.io.IOException](call)
      assert(e.getMessage.contains(file.getName), e.getMessage)
    }
    failsNamingIt(Similarity.loadCentroids(spark, idx))
    failsNamingIt(probe())
    failsNamingIt(Similarity.appendToIndex(Seq((500L, Seq.fill(8)(1f))).toDF("id", "vec"),
      "id", "vec", idx))
  }

  test("appendToIndex: incremental rows join the index; fullprobe == brute force over the union") {
    val dim = 8
    val all = (0 until 300).map(i => (i.toLong, unitVec(dim, i)))
    val first = all.filter(_._1 % 2 == 0).toDF("id", "vec")
    val second = all.filter(_._1 % 2 == 1).toDF("id", "vec")
    val centroids = Similarity.trainIvfCentroids(first, "vec", k = 6, sampleSize = 300)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_append_").toString
    Similarity.assignCells(first, "id", "vec", centroids, idx)
    Similarity.appendToIndex(second, "id", "vec", idx)
    val queries = (0 until 5).map(i => (i.toLong, jitter(unitVec(dim, i), 0.02f, 700 + i)))
      .toDF("qid", "qvec")
    val full = Similarity.ivfTopKFromIndex(spark, idx, queries, "qid", "qvec",
      k = 3, nProbe = centroids.length)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(all.toDF("id", "vec"), "id", "vec",
      queries, "qid", "qvec", 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full == brute,
      s"index after append diverged from brute force over the union")
    // the sidecar is untouched by the append
    val loaded = Similarity.loadCentroids(spark, idx)
    assert(loaded.zip(centroids).forall { case (a, b) => a.sameElements(b) })
    // cell stats see the full post-append index (footer-only count)
    val total = Similarity.indexCellStats(spark, idx)
      .agg(org.apache.spark.sql.functions.sum($"rows")).collect()(0).getLong(0)
    assert(total == 300L, s"cell stats must cover build + append rows: $total")
  }

  test("compactIndex: appends re-merge to ~filesPerCell; only fragmented cells rewrite; answers unchanged") {
    val dim = 8
    val all = (0 until 300).map(i => (i.toLong, unitVec(dim, i)))
    val thirds = (0 until 3).map(t => all.filter(_._1 % 3 == t).toDF("id", "vec"))
    val centroids = Similarity.trainIvfCentroids(thirds(0), "vec", k = 6, sampleSize = 300)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_compact_").toString
    Similarity.assignCells(thirds(0), "id", "vec", centroids, idx)
    Similarity.appendToIndex(thirds(1), "id", "vec", idx)
    Similarity.appendToIndex(thirds(2), "id", "vec", idx)
    def filesByCell() = filesOf(idx)
    val before = filesByCell()
    assert(before.values.exists(_.size > 1),
      s"fixture broken: appends must fragment some cell: $before")
    // fragmentation is visible in the stats dashboard
    val statFiles = Similarity.indexCellStats(spark, idx)
      .collect().map(r => r.getInt(0) -> r.getInt(2)).toMap
    assert(statFiles == before.view.mapValues(_.size).toMap,
      s"indexCellStats files column diverges from the FS listing: $statFiles vs $before")
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val compacted = Similarity.compactIndex(spark, idx)
    assert(compacted.toSet == before.filter(_._2.size > 1).keySet,
      s"compacted exactly the fragmented cells: $compacted vs $before")
    // the compaction's materialization checkpoint must not stay resident —
    // leaked blocks tax everything that runs after (unpersist is async)
    val freeBy = System.currentTimeMillis + 15000
    def leaked() = spark.sparkContext.getPersistentRDDs.keySet.diff(rddsBefore)
    while (leaked().nonEmpty && System.currentTimeMillis < freeBy) Thread.sleep(100)
    assert(leaked().isEmpty, s"compaction left checkpoint blocks resident: ${leaked()}")
    val after = filesByCell()
    assert(after.keySet == before.keySet, "compaction must not add or drop cells")
    assert(after.values.forall(_.size == 1), s"cells not merged to 1 file: $after")
    // untouched (already-compact) cells keep their exact files
    before.filter(_._2.size == 1).foreach { case (cell, files) =>
      assert(after(cell) == files, s"un-fragmented cell $cell was rewritten")
    }
    // sidecar survives the dynamic overwrite
    val loaded = Similarity.loadCentroids(spark, idx)
    assert(loaded.zip(centroids).forall { case (a, b) => a.sameElements(b) },
      "centroid sidecar lost by compaction")
    // fullprobe after compaction still equals brute force over everything
    val queries = (0 until 5).map(i => (i.toLong, jitter(unitVec(dim, i), 0.02f, 600 + i)))
      .toDF("qid", "qvec")
    val full = Similarity.ivfTopKFromIndex(spark, idx, queries, "qid", "qvec",
      k = 3, nProbe = centroids.length)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(all.toDF("id", "vec"), "id", "vec",
      queries, "qid", "qvec", 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full == brute, "compacted index diverged from brute force")
    // idempotent: a compact index compacts to nothing
    assert(Similarity.compactIndex(spark, idx).isEmpty, "second compaction must be a no-op")
  }

  test("compactIndex maxBytes = 1 bounds one run to one cell, most-fragmented cells first") {
    val dim = 8
    val corpus = (0 until 200).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 4, sampleSize = 200)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_maxcells_").toString
    Similarity.assignCells(corpus, "id", "vec", centroids, idx)
    // fragment cell A twice and cell B once: A ends at 3 files, B at 2
    def onCentroid(c: Int, ids: Range) =
      ids.map(i => (i.toLong, centroids(c).map(_.toFloat).toSeq)).toDF("id", "vec")
    Similarity.appendToIndex(onCentroid(0, 1000 until 1010), "id", "vec", idx)
    Similarity.appendToIndex(onCentroid(0, 1010 until 1020), "id", "vec", idx)
    Similarity.appendToIndex(onCentroid(1, 2000 until 2010), "id", "vec", idx)
    val filesOf = Similarity.indexCellStats(spark, idx)
      .collect().map(r => r.getInt(0) -> r.getInt(2)).toMap
    assert(filesOf(0) == 3 && filesOf(1) == 2, s"fixture: $filesOf")
    // one bounded run compacts ONLY the most fragmented cell
    val first = Similarity.compactIndex(spark, idx, maxBytes = 1L)
    assert(first == Seq(0), s"most-fragmented cell first: $first")
    val after1 = Similarity.indexCellStats(spark, idx)
      .collect().map(r => r.getInt(0) -> r.getInt(2)).toMap
    assert(after1(0) == 1 && after1(1) == 2, s"bounded run touched extra cells: $after1")
    // the next bounded run picks up the remaining fragmentation
    val second = Similarity.compactIndex(spark, idx, maxBytes = 1L)
    assert(second == Seq(1), s"incremental continuation: $second")
    assert(Similarity.compactIndex(spark, idx, maxBytes = 1L).isEmpty)
  }

  test("compactIndex maxBytes = 1: tombstone-pending cells are never starved by fragmentation order") {
    val dim = 8
    val corpus = (0 until 200).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 4, sampleSize = 200)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_starve_").toString
    Similarity.assignCells(corpus, "id", "vec", centroids, idx)
    def onCentroid(c: Int, ids: Range) =
      ids.map(i => (i.toLong, centroids(c).map(_.toFloat).toSeq)).toDF("id", "vec")
    // cell 0: most fragmented (3 files); cell 1: 1 file + a PENDING tombstone
    Similarity.appendToIndex(onCentroid(0, 1000 until 1010), "id", "vec", idx)
    Similarity.appendToIndex(onCentroid(0, 1010 until 1020), "id", "vec", idx)
    val idsInCell1 = spark.read.parquet(idx).filter($"cell" === 1)
      .select($"id").limit(1).collect().map(_.getLong(0))
    assert(idsInCell1.nonEmpty, "fixture: cell 1 must hold rows")
    Similarity.removeFromIndex(spark, idx, idsInCell1.toSeq.toDF("id"))
    // pure files-order would pick cell 0 forever under maxBytes = 1 with
    // ongoing appends — the tombstoned cell must win the bounded slot
    val first = Similarity.compactIndex(spark, idx, maxBytes = 1L)
    assert(first == Seq(1), s"tombstoned cell must compact first: $first")
    val second = Similarity.compactIndex(spark, idx, maxBytes = 1L)
    assert(second == Seq(0), s"fragmentation follows once deletions applied: $second")
  }

  test("compactIndex never reads untouched cells (poison proof at the I/O level)") {
    val dim = 8
    val corpus = (0 until 300).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 6, sampleSize = 300)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_cpoison_").toString
    Similarity.assignCells(corpus, "id", "vec", centroids, idx)
    // fragment ONLY cell 0: append rows that sit exactly on centroid 0's
    // direction, so assignment sends every one of them to cell 0
    val c0 = centroids(0).map(_.toFloat).toSeq
    val onC0 = (1000L until 1020L).map(i => (i, c0)).toDF("id", "vec")
    Similarity.appendToIndex(onC0, "id", "vec", idx)
    def files(cell: Int): Seq[java.io.File] = {
      val d = new java.io.File(idx, s"cell=$cell")
      if (!d.isDirectory) Seq.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
    }
    assert(files(0).size > 1, "fixture broken: cell 0 must be the fragmented cell")
    // poison every OTHER cell's data files (cell 0 stays readable — parquet
    // schema inference reads the first listed file, which is cell=0's)
    val allCells = Similarity.indexCellStats(spark, idx)
      .select($"cell").collect().map(_.getInt(0)).toSet
    val poisoned = (allCells - 0).flatMap(files(_))
    assert(poisoned.nonEmpty, "fixture broken: need poisoned cells")
    poisoned.foreach(f =>
      java.nio.file.Files.write(f.toPath, "poisoned-not-a-parquet-file".getBytes("UTF-8")))
    // compaction must list/read ONLY the fragmented cell — completing with
    // garbage everywhere else proves the partition pruning at the I/O level
    val done = Similarity.compactIndex(spark, idx)
    assert(done == Seq(0), s"must compact exactly the fragmented cell 0: $done")
    assert(files(0).size == 1, s"cell 0 not merged: ${files(0)}")
    // poisoned files are untouched by the dynamic overwrite
    poisoned.foreach { f =>
      assert(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .startsWith("poisoned"), s"compaction rewrote an untouched cell file: $f")
    }
    // non-vacuous poison: reading the whole index DOES fail
    intercept[Exception] {
      spark.read.parquet(idx).agg(org.apache.spark.sql.functions.sum($"norm")).collect()
    }
  }

  test("removeFromIndex: probes exclude tombstoned rows; compaction drops them physically") {
    val dim = 8
    val all = (0 until 300).map(i => (i.toLong, unitVec(dim, i)))
    val corpus = all.toDF("id", "vec")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 6, sampleSize = 300)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_del_").toString
    Similarity.assignCells(corpus, "id", "vec", centroids, idx)
    // plant exact clones of the first 5 vectors under huge ids: without
    // deletion they WOULD rank at the top for their queries (cosine 1)
    val planted = (0 until 5).map(i => (5000L + i, unitVec(dim, i))).toDF("id", "vec")
    Similarity.appendToIndex(planted, "id", "vec", idx)
    val removed = Similarity.removeFromIndex(spark, idx,
      (0 until 5).map(i => 5000L + i).toDF("id"))
    assert(removed == 5L, s"expected 5 tombstoned rows, got $removed")
    // absent ids resolve to nothing
    assert(Similarity.removeFromIndex(spark, idx, Seq(999999L).toDF("id")) == 0L)
    // pending tombstones are visible in the dashboard
    val pendingTs = Similarity.indexCellStats(spark, idx)
      .agg(org.apache.spark.sql.functions.sum($"tombstones")).collect()(0).getLong(0)
    assert(pendingTs == 5L, s"dashboard must show pending tombstones: $pendingTs")
    val queries = (0 until 5).map(i => (i.toLong, jitter(unitVec(dim, i), 0.02f, 650 + i)))
      .toDF("qid", "qvec")
    def fullprobe() = Similarity.ivfTopKFromIndex(spark, idx, queries, "qid", "qvec",
      k = 3, nProbe = centroids.length)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(corpus, "id", "vec", queries, "qid", "qvec", 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // BEFORE compaction: the anti-join hides the tombstoned clones
    assert(fullprobe() == brute,
      "probe with pending tombstones must exclude the removed rows")
    // compaction applies: physical rows AND bytes gone, tombstone store cleared
    val bytesBefore = Similarity.indexCellStats(spark, idx)
      .agg(org.apache.spark.sql.functions.sum($"bytes")).collect()(0).getLong(0)
    val compacted = Similarity.compactIndex(spark, idx)
    assert(compacted.nonEmpty, "tombstoned cells must be selected for compaction")
    val bytesAfter = Similarity.indexCellStats(spark, idx)
      .agg(org.apache.spark.sql.functions.sum($"bytes")).collect()(0).getLong(0)
    assert(bytesAfter < bytesBefore,
      s"compaction must reclaim bytes: $bytesBefore -> $bytesAfter")
    val residentIds = spark.read.parquet(idx).select($"id")
      .collect().map(_.getLong(0)).toSet
    assert((5000L until 5005L).forall(!residentIds.contains(_)),
      s"tombstoned rows still physically present: ${residentIds.filter(_ >= 5000L)}")
    assert(residentIds.size == 300, s"survivors damaged: ${residentIds.size}")
    assert(!new java.io.File(idx, "_tombstones").exists,
      "applied tombstones must be cleared from the store")
    // and the answers are unchanged after the physical rewrite
    assert(fullprobe() == brute, "compacted index diverged from brute force")
    // second compaction: nothing fragmented, nothing tombstoned
    assert(Similarity.compactIndex(spark, idx).isEmpty)
  }

  test("removeFromIndex: a fully-emptied cell disappears at compaction; probes stay correct") {
    val dim = 8
    val corpus = (0 until 200).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 4, sampleSize = 200)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_empty_").toString
    Similarity.assignCells(corpus, "id", "vec", centroids, idx)
    // remove EVERY row of cell 0
    val cell0Ids = spark.read.parquet(idx).filter($"cell" === 0)
      .select($"id").collect().map(_.getLong(0))
    assert(cell0Ids.nonEmpty, "fixture: cell 0 must hold rows")
    assert(Similarity.removeFromIndex(spark, idx, cell0Ids.toSeq.toDF("id"))
      == cell0Ids.length.toLong)
    val done = Similarity.compactIndex(spark, idx)
    assert(done.contains(0), s"the emptied cell must be selected: $done")
    assert(!new java.io.File(idx, "cell=0").exists,
      "a cell with zero surviving rows must be removed outright")
    // fullprobe over the remaining cells == brute force over the survivors
    val survivors = corpus.join(cell0Ids.toSeq.toDF("id"), Seq("id"), "left_anti")
    val queries = (0 until 5).map(i => (i.toLong, jitter(unitVec(dim, i), 0.02f, 350 + i)))
      .toDF("qid", "qvec")
    val full = Similarity.ivfTopKFromIndex(spark, idx, queries, "qid", "qvec",
      k = 3, nProbe = centroids.length)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(survivors, "id", "vec", queries, "qid", "qvec", 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full == brute, "probe over an index with a deleted cell diverged")
  }

  test("deleting EVERY row: stats dashboard reports zero cells, probe refuses with a clear error") {
    val dim = 8
    val corpus = (0 until 60).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 2, sampleSize = 60)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_allgone_").toString
    Similarity.assignCells(corpus, "id", "vec", centroids, idx)
    Similarity.removeFromIndex(spark, idx, (0L until 60L).toDF("id"))
    Similarity.compactIndex(spark, idx)
    assert(!new java.io.File(idx, "_tombstones").exists)
    // the dashboard must report the emptiness, not die in schema inference
    assert(Similarity.indexCellStats(spark, idx).count() == 0L)
    // and the probe refuses with the build/append guidance
    val q = corpus.limit(1).select($"id".as("qid"), $"vec".as("qvec"))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromIndex(spark, idx, q, "qid", "qvec", 1, 1)
    }
    assert(e.getMessage.contains("no data cells"), e.getMessage)
    // the lifecycle continues: append rebuilds content against the sidecar
    Similarity.appendToIndex(corpus.limit(10), "id", "vec", idx)
    assert(Similarity.ivfTopKFromIndex(spark, idx, q, "qid", "qvec", 1,
      centroids.length).count() == 1L)
  }

  test("compactIndex maxBytes: a byte budget bounds one run; an over-budget cell still progresses") {
    val dim = 8
    val corpus = (0 until 200).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 4, sampleSize = 200)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_bytes_").toString
    Similarity.assignCells(corpus, "id", "vec", centroids, idx)
    // fragment cell 0 HEAVILY (3 appends -> 4 files, the skewed hot cell)
    // and cells 1, 2 lightly (1 append each -> 2 files)
    def onCentroid(c: Int, ids: Range) =
      ids.map(i => (i.toLong, centroids(c).map(_.toFloat).toSeq)).toDF("id", "vec")
    Similarity.appendToIndex(onCentroid(0, 1000 until 1050), "id", "vec", idx)
    Similarity.appendToIndex(onCentroid(0, 1050 until 1100), "id", "vec", idx)
    Similarity.appendToIndex(onCentroid(0, 1100 until 1150), "id", "vec", idx)
    Similarity.appendToIndex(onCentroid(1, 2000 until 2010), "id", "vec", idx)
    Similarity.appendToIndex(onCentroid(2, 3000 until 3010), "id", "vec", idx)
    val stats = Similarity.indexCellStats(spark, idx)
      .collect().map(r => r.getInt(0) -> (r.getInt(2), r.getLong(3))).toMap
    assert(stats(0)._1 == 4 && stats(1)._1 == 2 && stats(2)._1 == 2, s"fixture: $stats")
    // budget below even the hot cell's bytes: the head cell still compacts
    // (progress guarantee — the rewrite streams, so this is an I/O bound,
    // not a memory bound) but nothing else fits the run
    val tiny = Similarity.compactIndex(spark, idx, maxBytes = 1L)
    assert(tiny == Seq(0), s"over-budget head cell must still make progress: $tiny")
    // next run under a budget that fits one light cell: exactly one compacts
    val statsAfter = Similarity.indexCellStats(spark, idx)
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    val oneCell = Similarity.compactIndex(spark, idx, maxBytes = statsAfter(1))
    assert(oneCell.size == 1 && (oneCell.head == 1 || oneCell.head == 2),
      s"budget for one light cell must compact exactly one: $oneCell")
    // unbounded run converges the rest; total content never changed
    Similarity.compactIndex(spark, idx)
    assert(Similarity.compactIndex(spark, idx).isEmpty)
    assert(spark.read.parquet(idx).count() == 200L + 150L + 10L + 10L)
  }

  test("removeFromIndexByVector: zero index I/O (poison proof); same end state as id-based removal") {
    val dim = 8
    val all = (0 until 200).map(i => (i.toLong, unitVec(dim, i)))
    val corpus = all.toDF("id", "vec")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 4, sampleSize = 200)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_delvec_").toString
    Similarity.assignCells(corpus, "id", "vec", centroids, idx)
    // poison EVERY data file: vector-based resolution must read only the
    // _centroids sidecar, so the call still succeeds — the id-based variant
    // would fail here (it scans the index), which also keeps this poison
    // non-vacuous
    val root = new java.io.File(idx)
    val poisoned = root.listFiles().filter(_.getName.startsWith("cell="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    val saved = poisoned.map(f => f -> java.nio.file.Files.readAllBytes(f.toPath)).toMap
    poisoned.foreach(f => java.nio.file.Files.write(f.toPath, "poison".getBytes))
    val doomed = all.take(5).toDF("id", "vec")
    val n = Similarity.removeFromIndexByVector(spark, idx, doomed, "id", "vec")
    assert(n == 5L, s"expected 5 tombstones resolved from the sidecar alone, got $n")
    intercept[Exception] { // non-vacuous: an index scan DOES fail right now
      Similarity.removeFromIndex(spark, idx, Seq(7L).toDF("id"))
    }
    // restore the data; the tombstones must now behave exactly like id-based
    // ones: probes exclude, compaction applies
    saved.foreach { case (f, bytes) => java.nio.file.Files.write(f.toPath, bytes) }
    val queries = (0 until 5).map(i => (i.toLong, jitter(unitVec(dim, i), 0.02f, 450 + i)))
      .toDF("qid", "qvec")
    def fullprobe() = Similarity.ivfTopKFromIndex(spark, idx, queries, "qid", "qvec",
      k = 3, nProbe = centroids.length)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(
      all.drop(5).toDF("id", "vec"), "id", "vec", queries, "qid", "qvec", 3)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fullprobe() == brute, "vector-resolved tombstones must mask the removed rows")
    Similarity.compactIndex(spark, idx)
    val resident = spark.read.parquet(idx).select($"id").collect().map(_.getLong(0)).toSet
    assert((0L until 5L).forall(!resident.contains(_)), s"rows not dropped: $resident")
    assert(fullprobe() == brute, "post-compaction probe diverged")
  }

  test("tombstone backlog warning fires past broadcast size, names the remedy") {
    assert(Similarity.tombstoneBacklogWarning(1024 * 1024).isEmpty,
      "small backlogs must stay silent")
    val w = Similarity.tombstoneBacklogWarning(100L * 1024 * 1024)
    assert(w.exists(m => m.contains("SHUFFLE") && m.contains("compactIndex")),
      s"big backlog must warn with the remedy: $w")
  }

  test("tombstones are (cell, id)-scoped: a wrong-cell tombstone masks and deletes nothing") {
    val dim = 8
    val corpus = (0 until 200).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 4, sampleSize = 200)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_cellscope_").toString
    Similarity.assignCells(corpus, "id", "vec", centroids, idx)
    // pick an id and tombstone it with a DRIFTED vector that resolves to a
    // DIFFERENT cell — the documented masks-nothing case
    val byCell = spark.read.parquet(idx).select($"id", $"cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val victim = byCell.keys.head
    val otherCell = byCell.values.find(_ != byCell(victim)).get
    val drifted = centroids(otherCell).map(_.toFloat).toSeq // sits ON the other centroid
    assert(Similarity.removeFromIndexByVector(spark, idx,
      Seq((victim, drifted)).toDF("id", "vec"), "id", "vec") == 1L)
    // probe with the victim's REAL vector, probing every cell: the row must
    // still be served (the tombstone lives in the wrong cell)
    val vq = corpus.filter($"id" === victim)
      .select($"id".as("qid"), $"vec".as("qvec"))
    val got = Similarity.ivfTopKFromIndex(spark, idx, vq, "qid", "qvec",
      k = 1, nProbe = centroids.length)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(victim) == victim,
      s"a wrong-cell tombstone must mask nothing: $got")
    // compaction (which selects both cells) must not delete the live row
    // either, and must clear the inert tombstone
    Similarity.compactIndex(spark, idx)
    assert(spark.read.parquet(idx).filter($"id" === victim).count() == 1L,
      "a wrong-cell tombstone physically deleted a live row")
    assert(!new java.io.File(idx, "_tombstones").exists, "inert tombstone not cleared")
  }

  private def topK(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
    df.select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  /** True when `e` or one of its causes is a missing-file error. */
  private def missingFile(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException])

  private def parquetFiles(dir: java.io.File): Seq[java.io.File] =
    dir.listFiles().filter(_.getName.endsWith(".parquet")).toSeq

  /** The data file names of each cell of the index at `idx`, from the FS. */
  private def filesOf(idx: String): Map[Int, Seq[String]] =
    new java.io.File(idx).listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(d => d.getName.stripPrefix("cell=").toInt -> parquetFiles(d).map(_.getName).sorted)
      .toMap

  /** A 100-row index over 2 cells plus its 5 jittered queries, for the
    * crash-state tests below.
    */
  private def smallIndex(prefix: String) = {
    val dim = 8
    val corpus = (0 until 100).map(i => (i.toLong, unitVec(dim, i)))
    val centroids = Similarity.trainIvfCentroids(corpus.toDF("id", "vec"), "vec",
      k = 2, sampleSize = 100)
    val idx = java.nio.file.Files.createTempDirectory(prefix).toString
    Similarity.assignCells(corpus.toDF("id", "vec"), "id", "vec", centroids, idx)
    val queries = (0 until 5).map(i => (i.toLong, jitter(unitVec(dim, i), 0.02f, 950 + i)))
      .toDF("qid", "qvec")
    def probe() = topK(Similarity.ivfTopKFromIndex(spark, idx, queries, "qid", "qvec",
      k = 3, nProbe = centroids.length))
    def expected(rows: Seq[(Long, Seq[Float])]) = topK(Similarity.bruteForceTopK(
      rows.toDF("id", "vec"), "id", "vec", queries, "qid", "qvec", 3))
    (corpus, centroids, idx, () => probe(), expected _)
  }

  test("crash leftover: an unnamed data file is never counted, adopted or kept") {
    val (corpus, centroids, idx, probe, expected) = smallIndex("graft_ivf_unnamed_")
    // a mutation that crashed between moving its files in and committing
    // leaves a committed-looking file no manifest names: here, a copy of
    // cell 0's data file under a new name
    val cell0 = new java.io.File(idx, "cell=0")
    val named = parquetFiles(cell0)
    assert(named.length == 1, s"fixture: one file in cell 0: $named")
    val orphan = new java.io.File(cell0, "part-00000-crashed.c000.snappy.parquet")
    java.nio.file.Files.copy(named.head.toPath, orphan.toPath)
    // probes, the dashboard and id resolution see only the named file
    assert(probe() == expected(corpus), "a probe read the unnamed copy")
    val stats = Similarity.indexCellStats(spark, idx)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(stats.values.map(_._1).sum == 100L && stats(0)._2 == 1,
      s"the dashboard counted the copy: $stats")
    val victim = spark.read.parquet(named.head.getPath).select($"id").as[Long].head()
    assert(Similarity.removeFromIndex(spark, idx, Seq(victim).toDF("id")) == 1L,
      "id resolution read the copy's row too")
    // the next commit that touches cell 0 deletes the copy and adopts nothing
    val onC0 = Seq((500L, centroids(0).map(_.toFloat).toSeq))
    Similarity.appendToIndex(onC0.toDF("id", "vec"), "id", "vec", idx)
    assert(!orphan.exists, "the commit touching cell 0 must delete the unnamed file")
    assert(spark.read.parquet(idx).count() == 101L, "the append adopted the copy")
    assert(probe() == expected(corpus.filterNot(_._1 == victim) ++ onC0))
  }

  test("crash leftover: a stray manifest temp file and _staging dir are ignored") {
    val (corpus, centroids, idx, probe, expected) = smallIndex("graft_ivf_stray_")
    // a commit that crashed before its rename leaves a temp manifest; a
    // mutation that crashed mid-write leaves its staging dir, here holding
    // a copy of a live data file
    val manifests = new java.io.File(idx, "_manifest")
    val tmp = new java.io.File(manifests, "_v7.tmp")
    java.nio.file.Files.writeString(tmp.toPath, "data\t0\t999\t1\tcell=0/missing.parquet\n")
    val staged = new java.io.File(idx, "_staging/cell=0")
    assert(staged.mkdirs())
    java.nio.file.Files.copy(parquetFiles(new java.io.File(idx, "cell=0")).head.toPath,
      new java.io.File(staged, "part-00000-stale.c000.snappy.parquet").toPath)
    // readers see exactly the committed index
    assert(probe() == expected(corpus), "a probe read a leftover")
    assert(Similarity.indexCellStats(spark, idx).agg(sum($"rows")).head().getLong(0) == 100L)
    assert(Similarity.loadCentroids(spark, idx).zip(centroids)
      .forall { case (a, b) => a.sameElements(b) })
    // the next mutation commits past both and clears them
    val onC1 = Seq((500L, centroids(1).map(_.toFloat).toSeq))
    Similarity.appendToIndex(onC1.toDF("id", "vec"), "id", "vec", idx)
    assert(!tmp.exists && !new java.io.File(idx, "_staging").exists,
      "the next mutation must clear the leftovers")
    assert(manifests.list().count(!_.startsWith(".")) == 1,
      s"only the live manifest may remain: ${manifests.list().toSeq}")
    assert(spark.read.parquet(idx).count() == 101L, "the append adopted the staged copy")
    assert(probe() == expected(corpus ++ onC1))
  }

  test("crash leftovers do not stop compactIndex from applying pending tombstones") {
    val (corpus, _, idx, probe, expected) = smallIndex("graft_ivf_leftover_ts_")
    assert(Similarity.removeFromIndex(spark, idx, Seq(3L, 4L).toDF("id")) == 2L)
    // all three leftovers at once: an unnamed copy in a tombstoned cell, a
    // temp manifest and a staging dir with a stale file
    val cellOf3 = spark.read.parquet(idx).filter($"id" === 3L).select($"cell").as[Int].head()
    val live = parquetFiles(new java.io.File(idx, s"cell=$cellOf3")).head
    java.nio.file.Files.copy(live.toPath,
      new java.io.File(live.getParentFile, "part-00000-crashed.c000.snappy.parquet").toPath)
    val tmp = new java.io.File(idx, "_manifest/_v9.tmp")
    java.nio.file.Files.writeString(tmp.toPath, "garbage")
    val staged = new java.io.File(idx, "_staging/cell=0")
    assert(staged.mkdirs())
    java.nio.file.Files.copy(live.toPath, new java.io.File(staged, "part-stale.parquet").toPath)
    assert(Similarity.compactIndex(spark, idx).contains(cellOf3))
    val resident = spark.read.parquet(idx).select($"id").as[Long].collect()
    assert(resident.length == 98 && !resident.contains(3L) && !resident.contains(4L),
      s"pending deletes not applied, or a leftover adopted: ${resident.length} rows")
    assert(!new java.io.File(idx, "_tombstones").exists, "applied tombstones must leave")
    assert(!tmp.exists && !new java.io.File(idx, "_staging").exists)
    assert(probe() == expected(corpus.filterNot(r => r._1 == 3L || r._1 == 4L)))
  }

  test("failed-attempt leftover: an unnamed file in a live cell or tombstone dir is never read") {
    val (corpus, centroids, idx, probe, expected) = smallIndex("graft_ivf_attempt_")
    val cellOf = spark.read.parquet(idx).select($"id", $"cell").as[(Long, Int)].collect().toMap
    val c = cellOf(3L)
    val cellRows = cellOf.count(_._2 == c).toLong
    val others = corpus.map(_._1).filter(id => id != 3L && cellOf(id) == c)
    assert(others.length >= 2, s"fixture: cell $c holds ${others.length + 1} rows")
    assert(Similarity.removeFromIndex(spark, idx, Seq(3L).toDF("id")) == 1L)
    // what a failed task attempt of an append or a remove leaves: a file
    // under a final-looking name that no manifest names. Here, a copy of
    // the cell's data, and a tombstone of a live row of the cell
    def attemptName = s"part-${java.util.UUID.randomUUID()}-00000-0.snappy.parquet"
    val cellDir = new java.io.File(idx, s"cell=$c")
    val dataLeftover = new java.io.File(cellDir, attemptName)
    java.nio.file.Files.copy(parquetFiles(cellDir).head.toPath, dataLeftover.toPath)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_attempt_ts_").toString + "/t"
    Seq(others.head).toDF("id").coalesce(1).write.parquet(tmp)
    val tsLeftover = new java.io.File(idx, s"_tombstones/cell=$c/$attemptName")
    java.nio.file.Files.copy(parquetFiles(new java.io.File(tmp)).head.toPath, tsLeftover.toPath)
    // (rows, files, tombstones) of cell c on the dashboard
    def stats() = Similarity.indexCellStats(spark, idx).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getInt(2), r.getLong(4))).toMap.apply(c)
    val alive = corpus.filterNot(_._1 == 3L)
    assert(probe() == expected(alive), "a probe read a leftover")
    assert(stats() == ((cellRows, 1, 1L)), "the dashboard counted a leftover")
    // an append into the cell: its commit deletes the data leftover
    val onC = Seq((500L, centroids(c).map(_.toFloat).toSeq))
    Similarity.appendToIndex(onC.toDF("id", "vec"), "id", "vec", idx)
    assert(!dataLeftover.exists, "the append touching the cell must delete the unnamed file")
    assert(probe() == expected(alive ++ onC))
    // a remove in the cell: its commit deletes the tombstone leftover
    assert(Similarity.removeFromIndex(spark, idx, Seq(others.last).toDF("id")) == 1L)
    assert(!tsLeftover.exists, "the remove touching the cell must delete the unnamed file")
    assert(stats() == ((cellRows + 1, 2, 2L)))
    assert(probe() == expected((alive ++ onC).filterNot(_._1 == others.last)))
  }

  test("a deleted manifest-named data file fails the probe of its cell loudly") {
    val (_, centroids, idx, probe, _) = smallIndex("graft_ivf_lost_file_")
    parquetFiles(new java.io.File(idx, "cell=0")).foreach(f => assert(f.delete()))
    // fewer rows would be a silent wrong answer: the probe must throw
    intercept[java.io.FileNotFoundException](probe())
    // a probe of the other cell alone still answers
    val onC1 = Seq((0L, centroids(1).map(_.toFloat).toSeq)).toDF("qid", "qvec")
    assert(Similarity.ivfTopKFromIndex(spark, idx, onC1, "qid", "qvec", k = 1, nProbe = 1)
      .count() == 1L)
  }

  test("compactIndex clears the tombstones of a cell that holds no data") {
    val dim = 8
    val corpus = (0 until 100).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 2, sampleSize = 100)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_dataless_ts_").toString
    def onCentroid(c: Int, ids: Range) =
      ids.map(i => (i.toLong, centroids(c).map(_.toFloat).toSeq)).toDF("id", "vec")
    // every indexed row sits in cell 0; cell 1 holds no data
    Similarity.assignCells(onCentroid(0, 0 until 20), "id", "vec", centroids, idx)
    // a by-vector delete of a never-indexed id whose vector resolves to
    // cell 1: an inert tombstone in a cell without data
    assert(Similarity.removeFromIndexByVector(spark, idx, onCentroid(1, 900 until 901)) == 1L)
    assert(new java.io.File(idx, "_tombstones/cell=1").isDirectory)
    assert(Similarity.compactIndex(spark, idx) == Seq(1))
    assert(!new java.io.File(idx, "_tombstones").exists,
      "the inert tombstone must leave with its cell's compaction")
    assert(Similarity.compactIndex(spark, idx).isEmpty)
    assert(spark.read.parquet(idx).count() == 20L)
  }

  test("no-op mutations commit nothing: empty/dirty append, absent-id remove") {
    val (corpus, _, idx, probe, expected) = smallIndex("graft_ivf_noop_")
    val manifests = new java.io.File(idx, "_manifest")
    def state() = (manifests.list().toSet, probe(),
      Similarity.indexCellStats(spark, idx).collect().toSeq)
    val before = state()
    assert(before._2 == expected(corpus))
    Similarity.appendToIndex(Seq.empty[(Long, Seq[Float])].toDF("id", "vec"), "id", "vec", idx)
    val dirty = Seq((900L, Seq.fill(8)(0f)), (901L, Seq(1f, 2f)),
      (902L, Seq.fill(8)(Float.NaN))).toDF("id", "vec")
    Similarity.appendToIndex(dirty, "id", "vec", idx)
    assert(Similarity.removeFromIndex(spark, idx, Seq(999999L).toDF("id")) == 0L)
    assert(state() == before, "a no-op mutation committed a new version")
  }

  test("indexCellStats comes from the manifest alone (every index file poisoned)") {
    val dim = 8
    val corpus = (0 until 200).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 4, sampleSize = 200)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_stats_poison_").toString
    Similarity.assignCells(corpus, "id", "vec", centroids, idx)
    Similarity.appendToIndex(
      (1000L until 1010L).map(i => (i, centroids(0).map(_.toFloat).toSeq)).toDF("id", "vec"),
      "id", "vec", idx)
    Similarity.removeFromIndex(spark, idx, Seq(0L, 1L, 2L, 1005L).toDF("id"))
    // the exact numbers, from the files themselves before the poison
    def byCell(df: org.apache.spark.sql.DataFrame) = df.groupBy($"cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rows = byCell(spark.read.parquet(idx))
    val tombstones = byCell(spark.read.parquet(s"$idx/_tombstones"))
    val cellDirs = new java.io.File(idx).listFiles().filter(_.getName.startsWith("cell="))
    val expected = cellDirs.map { d =>
      val cell = d.getName.stripPrefix("cell=").toInt
      val fs = parquetFiles(d)
      (cell, rows(cell), fs.length, fs.map(_.length).sum, tombstones.getOrElse(cell, 0L))
    }.toSet
    assert(tombstones.values.sum == 4L && expected.exists(_._3 > 1), s"fixture: $expected")
    // poison every data and tombstone file: a dashboard that read any of
    // them, or listed a cell directory, would throw or miscount
    (cellDirs.toSeq ++ new java.io.File(idx, "_tombstones").listFiles())
      .flatMap(parquetFiles)
      .foreach(f => java.nio.file.Files.write(f.toPath, "poison".getBytes("UTF-8")))
    val got = Similarity.indexCellStats(spark, idx).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == expected, s"dashboard diverged from the files: $got vs $expected")
    intercept[Exception] { // non-vacuous: reading the index DOES fail now
      spark.read.parquet(idx).count()
    }
  }

  test("removeFromIndex contract: compact-then-re-add works (tombstone does not outlive compaction)") {
    val dim = 8
    val corpus = (0 until 100).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 2, sampleSize = 100)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_readd_").toString
    Similarity.assignCells(corpus, "id", "vec", centroids, idx)
    val vec7 = corpus.filter($"id" === 7L)
    Similarity.removeFromIndex(spark, idx, Seq(7L).toDF("id"))
    Similarity.compactIndex(spark, idx)
    // documented lifecycle: compaction cleared the tombstone, so the id can
    // come back and is served again
    Similarity.appendToIndex(vec7, "id", "vec", idx)
    val queries = vec7.select($"id".as("qid"), $"vec".as("qvec"))
    val got = Similarity.ivfTopKFromIndex(spark, idx, queries, "qid", "qvec",
      k = 1, nProbe = centroids.length)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(7L) == 7L, s"re-added id must be served after compaction: $got")
  }

  test("index lifecycle model check: random append/remove/compact sequences match brute force") {
    // model-based randomized check: drive the persisted index through a
    // random op sequence while tracking the expected surviving rows in
    // memory; after EVERY step, a fullprobe must equal brute force over the
    // model. Catches interaction bugs directed tests miss (remove-then-
    // append cells, repeated removes, budgeted compaction interleavings).
    // Each step also has a concurrent reader: a fullprobe built before the
    // step and run after it must answer for the pre-step model, or — after
    // a compaction only — fail loudly on a file the compaction deleted.
    // Deterministic seed: failures reproduce.
    val dim = 8
    val rnd = new scala.util.Random(4242)
    val initial = (0 until 120).map(i => (i.toLong, unitVec(dim, i)))
    val centroids = Similarity.trainIvfCentroids(initial.toDF("id", "vec"), "vec",
      k = 4, sampleSize = 200)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_model_").toString
    Similarity.assignCells(initial.toDF("id", "vec"), "id", "vec", centroids, idx)
    var model: Map[Long, Seq[Float]] = initial.toMap
    var nextId = 1000L
    val queries = (0 until 4).map(i => (i.toLong, jitter(unitVec(dim, 500 + i), 0.02f, i)))
      .toDF("qid", "qvec")
    def fullprobe() = Similarity.ivfTopKFromIndex(spark, idx, queries, "qid", "qvec",
      k = 3, nProbe = centroids.length)
    def brute(m: Map[Long, Seq[Float]]) = topK(Similarity.bruteForceTopK(
      m.toSeq.toDF("id", "vec"), "id", "vec", queries, "qid", "qvec", 3))
    def check(step: String): Unit =
      assert(topK(fullprobe()) == brute(model), s"model divergence after $step")
    def step(name: String, compacts: Boolean)(body: => Unit): Unit = {
      val before = fullprobe()
      val preModel = model
      body
      try assert(topK(before) == brute(preModel), s"a probe built before $name diverged")
      catch { case e: Exception if compacts && missingFile(e) => () }
      check(name)
    }
    for (s <- 0 until 12) {
      rnd.nextInt(3) match {
        case 0 => // append a fresh batch
          val batch = (0 until 10).map(j => (nextId + j, unitVec(dim, rnd.nextInt(10000))))
          nextId += 10
          step(s"$s:append", compacts = false) {
            Similarity.appendToIndex(batch.toDF("id", "vec"), "id", "vec", idx)
            model ++= batch
          }
        case 1 => // remove a random live subset (sometimes by vector)
          val doomed = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(8))
          val byId = rnd.nextBoolean()
          step(s"$s:remove", compacts = false) {
            if (byId) Similarity.removeFromIndex(spark, idx, doomed.toDF("id"))
            else Similarity.removeFromIndexByVector(spark, idx,
              doomed.map(i => (i, model(i))).toDF("id", "vec"), "id", "vec")
            model --= doomed
          }
        case 2 => // compact, sometimes byte-budgeted
          val budget = if (rnd.nextBoolean()) Long.MaxValue else 1L + rnd.nextInt(20000)
          step(s"$s:compact(budget=$budget)", compacts = true) {
            Similarity.compactIndex(spark, idx, maxBytes = budget)
          }
      }
    }
    // drain: unbounded compactions must converge with the model intact
    while (Similarity.compactIndex(spark, idx).nonEmpty) ()
    check("drain")
    val resident = spark.read.parquet(idx).select($"id").collect().map(_.getLong(0)).toSet
    assert(resident == model.keySet,
      s"physical rows diverge from the model: extra=${resident -- model.keySet} " +
        s"missing=${model.keySet -- resident}")
  }

  test("probe/compact soak: every concurrent full probe equals brute force") {
    val dim = 8
    val corpus = (0 until 200).map(i => (i.toLong, unitVec(dim, i)))
    val centroids = Similarity.trainIvfCentroids(corpus.toDF("id", "vec"), "vec",
      k = 4, sampleSize = 200)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_soak_").toString
    Similarity.assignCells(corpus.toDF("id", "vec"), "id", "vec", centroids, idx)
    val qs = (0 until 4).map(i => (i.toLong, jitter(unitVec(dim, i), 0.02f, 970 + i)))
    val queries = qs.toDF("qid", "qvec")
    val want = topK(Similarity.bruteForceTopK(corpus.toDF("id", "vec"), "id", "vec",
      queries, "qid", "qvec", 3))
    // filler rows sit below every query's 3rd-best cosine, so no append can
    // change any answer: every version of the index has the same top-3
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum /
        math.sqrt(a.map(x => x.toDouble * x).sum * b.map(x => x.toDouble * x).sum)
    val floor = qs.map { case (_, q) => corpus.map(c => cos(q, c._2)).sorted.reverse(2) }.min
    val filler = Iterator.from(0).map(i => unitVec(dim, 50000 + i))
      .filter(v => qs.forall(q => cos(q._2, v) < floor - 0.05))
      .take(60).toSeq.zipWithIndex.map { case (v, i) => (10000L + i, v) }
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ok = new java.util.concurrent.atomic.AtomicInteger(0)
    val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() =>
      while (!stop.get) {
        try {
          val got = topK(Similarity.ivfTopKFromIndex(spark, idx, queries, "qid", "qvec",
            k = 3, nProbe = centroids.length))
          if (got == want) ok.incrementAndGet() else problems.add(s"diverged: $got")
        } catch {
          // a compaction deleted a file this probe had planned to read
          case e: Exception if missingFile(e) => ()
          case e: Throwable => problems.add(e.toString)
        }
      })
    reader.start()
    try {
      filler.grouped(20).foreach { batch =>
        Similarity.appendToIndex(batch.toDF("id", "vec"), "id", "vec", idx)
        Similarity.compactIndex(spark, idx)
      }
    } finally {
      stop.set(true)
      reader.join()
    }
    assert(problems.isEmpty, s"concurrent probes went wrong: ${problems.toArray.toSeq}")
    assert(ok.get > 0, "no concurrent probe completed")
    assert(spark.read.parquet(idx).count() == 260L)
  }

  test("filesPerCell salts the build shuffle: big cells write in parallel, results unchanged") {
    val dim = 8
    val corpus = (0 until 300).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 4, sampleSize = 300)
    val idx1 = java.nio.file.Files.createTempDirectory("graft_ivf_f1_").toString
    val idx3 = java.nio.file.Files.createTempDirectory("graft_ivf_f3_").toString
    Similarity.assignCells(corpus, "id", "vec", centroids, idx1)
    Similarity.assignCells(corpus, "id", "vec", centroids, idx3, filesPerCell = 3)
    // the salted layout actually fans out: some cell dir holds > 1 data file
    def filesPerCellDir(idx: String): Seq[Int] = {
      val root = new java.io.File(idx)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    }
    assert(filesPerCellDir(idx1).forall(_ == 1), "unsalted build: one file per cell")
    assert(filesPerCellDir(idx3).exists(_ > 1),
      s"salted build must produce parallel files: ${filesPerCellDir(idx3)}")
    // and the query answer is layout-independent
    val queries = (0 until 5).map(i => (i.toLong, jitter(unitVec(dim, i), 0.02f, 800 + i)))
      .toDF("qid", "qvec")
    def res(idx: String) = Similarity.ivfTopKFromIndex(spark, idx, queries,
      "qid", "qvec", k = 3, nProbe = centroids.length)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(res(idx1) == res(idx3), "salted layout changed query results")
    // the index keeps its layout: a build's salted files are not fragmentation
    val built = filesOf(idx3)
    assert(Similarity.compactIndex(spark, idx3).isEmpty,
      "an F = 3 build must compact to nothing")
    assert(filesOf(idx3) == built, "compaction of a compact F = 3 index moved files")
    // appends and compactions follow the build's F without being told it
    val batch = (1000 until 1300).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec")
      .repartition(4)
    Similarity.appendToIndex(batch, "id", "vec", idx3)
    assert(filesPerCellDir(idx3).exists(_ > 3), s"fixture: ${filesPerCellDir(idx3)}")
    assert(Similarity.compactIndex(spark, idx3).nonEmpty)
    assert(filesPerCellDir(idx3).forall(_ <= 3), s"F = 3 exceeded: ${filesPerCellDir(idx3)}")
    assert(res(idx3) == topK(Similarity.bruteForceTopK(corpus.union(batch), "id", "vec",
      queries, "qid", "qvec", 3)), "compacted F = 3 index diverged from brute force")
  }

  test("a manifest without a filesPerCell line appends and compacts as one file per cell") {
    val dim = 8
    val corpus = (0 until 300).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec")
    val centroids = Similarity.trainIvfCentroids(corpus, "vec", k = 4, sampleSize = 300)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_nofpc_").toString
    Similarity.assignCells(corpus, "id", "vec", centroids, idx, filesPerCell = 3)
    // the manifest as an index written before the layout was recorded
    val v1 = java.nio.file.Paths.get(idx, "_manifest", "v1")
    val lines = java.nio.file.Files.readAllLines(v1).toArray.map(_.toString).toSeq
    assert(lines.contains("filesPerCell\t3"), s"the build must record its layout: $lines")
    java.nio.file.Files.write(v1,
      lines.filterNot(_.startsWith("filesPerCell\t")).mkString("", "\n", "\n").getBytes("UTF-8"))
    // the local file system's checksum of the manifest as written
    java.nio.file.Files.delete(java.nio.file.Paths.get(idx, "_manifest", ".v1.crc"))
    val salted = filesOf(idx)
    assert(salted.values.exists(_.size > 1), s"fixture: $salted")
    // a multi-partition append adds one file to each cell it touches
    val batch = (1000 until 1100).map(i => (i.toLong, unitVec(dim, i))).toDF("id", "vec")
      .repartition(4)
    Similarity.appendToIndex(batch, "id", "vec", idx)
    val appended = filesOf(idx)
    assert(appended.forall { case (c, fs) => fs.size - salted.getOrElse(c, Nil).size <= 1 },
      s"an F = 1 append wrote more than one file into a cell: $salted -> $appended")
    // and compaction merges every multi-file cell into one file, once
    val compacted = Similarity.compactIndex(spark, idx)
    assert(compacted.toSet == appended.filter(_._2.size > 1).keySet,
      s"compacted exactly the multi-file cells: $compacted vs $appended")
    assert(filesOf(idx).values.forall(_.size == 1), s"not one file per cell: ${filesOf(idx)}")
    assert(Similarity.compactIndex(spark, idx).isEmpty)
    val queries = (0 until 5).map(i => (i.toLong, jitter(unitVec(dim, i), 0.02f, 900 + i)))
      .toDF("qid", "qvec")
    assert(topK(Similarity.ivfTopKFromIndex(spark, idx, queries, "qid", "qvec", k = 3,
      nProbe = centroids.length)) == topK(Similarity.bruteForceTopK(corpus.union(batch),
      "id", "vec", queries, "qid", "qvec", 3)))
  }
}
